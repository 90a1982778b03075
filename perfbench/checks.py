"""Output checks and metric arithmetic of the benchmark. Pure Python, no
engine: every expected value here comes from the fixture text itself,
never from MockLLM, so a fast but wrong engine fails."""

import glob
import json
import os

# The four prompts of etl_cold (perfbench.Main.basePrompts).
PROMPTS = ("the_count", "mentions_spark", "first_word", "invoice_total")


def answers(text):
    """What the four prompts must yield for one document: the number of
    times "the" occurs, whether "spark" occurs, the first whitespace-
    separated word, and null for the question the text cannot answer."""
    words = text.split()
    return {
        "the_count": float(text.count("the")),
        "mentions_spark": "spark" in text,
        "first_word": words[0] if words else None,
        "invoice_total": None,
    }


def same(got, want):
    if want is None:
        return got is None
    if isinstance(want, bool):
        return got is want
    if isinstance(want, float):
        return isinstance(got, (int, float)) and not isinstance(got, bool) and float(got) == want
    return got == want


def read_rows(out_dir):
    """The JSON rows the filesystem sink wrote under `out_dir`."""
    rows = []
    for f in sorted(glob.glob(os.path.join(out_dir, "part-*.json"))):
        with open(f, encoding="utf-8") as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return rows


def check_rows(rows, texts, expected_names):
    """Number of expected files whose row is missing, duplicated or wrong,
    plus rows for files that should not be there."""
    by_name = {}
    for r in rows:
        by_name.setdefault(r.get("file_name"), []).append(r)
    bad = sum(1 for n in by_name if n not in expected_names)
    for name in expected_names:
        got = by_name.get(name, [])
        want = answers(texts[name])
        if len(got) != 1 or not all(same(got[0].get(p), want[p]) for p in PROMPTS):
            bad += 1
    return bad


def check_etl_pass(p, texts, names):
    """Failed operations (files) of one Workflow.run pass over the files
    `names` into an empty history, and what failed. A wrong run summary
    or a completion billed more or less than once per (file, prompt)
    fails every file of the pass."""
    problems = []
    want = (len(names), len(names), len(names), 0)
    got = (p["listed"], p["after_dedup"], p["extracted"], p["failed"])
    if got != want:
        problems.append(f"pass {p['pass']}: RunSummary {got} != {want}")
    if p["llm_calls"] != len(names) * len(PROMPTS):
        problems.append(f"pass {p['pass']}: {p['llm_calls']} completions for "
                        f"{len(names)} files x {len(PROMPTS)} prompts")
    whole_pass = bool(problems)
    bad = check_rows(read_rows(p["out_dir"]), texts, names)
    if bad:
        problems.append(f"pass {p['pass']}: {bad} files with a wrong or missing row")
    return (len(names) if whole_pass else bad), problems


def check_fingerprints(got, recorded):
    """Names of the queries whose (rows, hash) differs from the record."""
    return sorted(q for q in set(got) | set(recorded) if got.get(q) != recorded.get(q))


def percentile(xs, q):
    """q-th percentile (0..100) by linear interpolation between ranks."""
    if not xs:
        raise ValueError("percentile of no values")
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50)
