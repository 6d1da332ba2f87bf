#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one housebench workload.

    python3 scripts/housebench_ab.py PARENT_DIR CHANGE_DIR \
        --workload housing_etl --pairs 10 --out runs.jsonl

Each pair runs the command pinned in PARENT_DIR/BENCHMARK.json (plus
--workload, --seed, --seconds run_seconds, --trace 0) once in each
checkout, on the same seed; pair i (from 0) uses seed i + 1, and the
parent runs first on odd seeds. Both checkouts must pin the same command
and run length. Every run's full record is appended to --out as one JSON
line. Then, for each end-to-end metric BENCHMARK.json declares, it
prints each side's median and quartiles, the fraction of pairs the
change won (ties count for neither side) and a verdict:

  gain        the change won at least 9/10 of all pairs run, the medians
              differ, in its favour, by more than the parent's
              interquartile range, every run produced a record and the
              change failed no more operations than the parent;
  regression  the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  the parent's interquartile range is wider than the bound,
              and not every change run beats every parent run;
  held        otherwise.

It also prints failed/attempted per side, and on how many seeds the
ridge R² the housing_etl workload checks is identical on both sides and
on how many it agrees within 1e-9 (two correct solvers of the same fit
can differ in the last digits).
The exit status is 1 if any run failed to produce a record.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def bench_spec(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    for line in reversed(p.stdout.splitlines()):
        if line.startswith('{"full_record"'):
            return json.loads(line)["full_record"]
    sys.stderr.write(p.stderr[-3000:])
    return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def failed(pairs, k):
    return sum(p[k]["result"]["failed"] for p in pairs if p[k])


def summarize(metric, pairs):
    name, lower = metric["name"], metric["better"] == "lower"
    both = [(p["result"]["metrics"][name]["value"], c["result"]["metrics"][name]["value"])
            for p, c in pairs if p and c]
    if not both:
        return None
    par = [a for a, _ in both]
    chg = [b for _, b in both]
    wins = sum(1 for a, b in both if (b < a if lower else b > a))
    pm, cm = statistics.median(par), statistics.median(chg)
    p25, p75 = quartiles(par)
    iqr = p75 - p25
    gap = (pm - cm) if lower else (cm - pm)  # > 0: the change is better
    worse = -gap / abs(pm) if pm else 0.0
    complete = len(both) == len(pairs) and failed(pairs, 1) <= failed(pairs, 0)
    if complete and wins >= 0.9 * len(pairs) and gap > iqr:
        verdict = "gain"
    elif worse > metric["bound"]:
        verdict = "regression"
    elif pm and iqr / abs(pm) > metric["bound"] and not (
            max(chg) < min(par) if lower else min(chg) > max(par)):
        verdict = "unresolved"
    else:
        verdict = "held"
    c25, c75 = quartiles(chg)
    return {"metric": name, "n": len(both),
            "parent_median": pm, "parent_q1": p25, "parent_q3": p75,
            "change_median": cm, "change_q1": c25, "change_q3": c75,
            "change_vs_parent": (cm - pm) / pm if pm else 0.0,
            "wins": wins, "verdict": verdict}


def r2_close(a, b, tol=1e-9):
    """Whether two checked R² values (one per timed pass) agree within tol."""
    a, b = ([x] if not isinstance(x, list) else x for x in (a, b))
    return len(a) == len(b) and all(abs(x - y) <= tol for x, y in zip(a, b))


def report(spec, pairs):
    def spread(m, q1, q3):
        return f"{m:.4g} [{q1:.4g}, {q3:.4g}]"
    print(f"{'metric':<14}{'parent median [q1, q3]':>34}{'change median [q1, q3]':>34}"
          f"{'change':>9}{'wins':>8}  verdict")
    for m in spec["end_to_end"]:
        s = summarize(m, pairs)
        if s is None:
            continue
        print(f"{s['metric']:<14}"
              f"{spread(s['parent_median'], s['parent_q1'], s['parent_q3']):>34}"
              f"{spread(s['change_median'], s['change_q1'], s['change_q3']):>34}"
              f"{100 * s['change_vs_parent']:>+8.1f}%{s['wins']:>5}/{len(pairs):<3} {s['verdict']}")
    for side, k in (("parent", 0), ("change", 1)):
        recs = [p[k] for p in pairs if p[k]]
        attempted = sum(r["result"]["attempted"] for r in recs)
        wrong = sum(not r["result"]["correct"] for r in recs)
        print(f"{side}: failed/attempted {failed(pairs, k)}/{attempted}, "
              f"runs not correct {wrong}/{len(recs)}, records {len(recs)}/{len(pairs)}")
    r2 = [(p["jvm"]["checked"].get("r2"), c["jvm"]["checked"].get("r2"))
          for p, c in pairs if p and c and "r2" in p["jvm"].get("checked", {})]
    if r2:
        same = sum(a == b for a, b in r2)
        close = sum(r2_close(a, b) for a, b in r2)
        print(f"ridge R² identical on both sides: {same}/{len(r2)} seeds, "
              f"within 1e-9: {close}/{len(r2)} seeds")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", required=True, help="JSON-lines file the run records are appended to")
    args = ap.parse_args()

    spec = bench_spec(args.parent)
    other = bench_spec(args.change)
    if (spec["command"], spec["run_seconds"]) != (other["command"], other["run_seconds"]):
        sys.exit("the two checkouts pin different benchmark commands")
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    pairs, missing = [], 0
    with open(args.out, "a") as out:
        for i in range(args.pairs):
            seed = i + 1
            order = ["parent", "change"] if seed % 2 else ["change", "parent"]
            rec = {}
            for side in order:
                rec[side] = run_once(sides[side], spec, args.workload, seed)
                missing += rec[side] is None
                out.write(json.dumps({"side": side, "pair": i, "seed": seed,
                                      "first": order[0], "full_record": rec[side]}) + "\n")
                out.flush()
                r = rec[side] and rec[side]["result"]
                print(f"pair {i} seed {seed} {side}: " + (
                    "no record" if r is None else
                    f"correct={r['correct']} failed={r['failed']}/{r['attempted']} " +
                    " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())),
                    file=sys.stderr, flush=True)
            pairs.append((rec["parent"], rec["change"]))

    print(f"workload {args.workload}: {len(pairs)} pairs, seeds 1..{args.pairs}, "
          f"records in {args.out}")
    report(spec, pairs)
    sys.exit(1 if missing else 0)


if __name__ == "__main__":
    main()
