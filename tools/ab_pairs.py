#!/usr/bin/env python3
"""A/B pairs of benchmark runs: a parent ref against the working tree.

    python3 tools/ab_pairs.py --workload cow_upsert --seeds 401-410 [--parent HEAD]

Exports the parent ref with ``git archive`` into a new temporary
directory (under /tmp unless TMPDIR names another; removed at the end),
then runs ``perfbench/run.py --workload <w> --seed <n> --seconds 7
--trace 0`` once per seed on each side, alternating which side goes
first. Pair i is the two runs of seed i. For every end-to-end metric of
``BENCHMARK.json`` it prints each side's median and quartiles over the
complete pairs, the pairs the change wins out of all pairs run (a tie, or
a pair with a failed run, counts for neither side), the parent's IQR, the
relative change of the median and the metric's bound. A pair is flagged
when a run did not finish, when the change's run is not correct, or when
it failed more operations than the parent's. Each run's wall time, its
build included, is printed beside its seed. Run from the root of the
checkout under test.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "perfbench"))
from metrics import quantile  # noqa: E402  (the benchmark's own quantile rule)

# Both sides run the benchmark's own window length.
RUN = ["python3", "perfbench/run.py", "--seconds", "7", "--trace", "0"]


def quartiles(values):
    """(first quartile, median, third quartile)."""
    return tuple(quantile(values, q) for q in (0.25, 0.5, 0.75))


def wins(parent, change, better):
    """Pairs in which the change is strictly better; ties count for neither."""
    if better == "lower":
        return sum(1 for p, c in zip(parent, change) if c < p)
    return sum(1 for p, c in zip(parent, change) if c > p)


def compare(parent, change, better, bound, pairs):
    """One metric's comparison over the complete pairs (``parent[i]`` and
    ``change[i]`` ran the same seed) out of ``pairs`` pairs run."""
    assert len(parent) == len(change) <= pairs
    pq, cq = quartiles(parent), quartiles(change)
    gap = cq[1] - pq[1]
    return {
        "parent": pq, "change": cq, "pairs": pairs,
        "wins": wins(parent, change, better),
        "parent_iqr": pq[2] - pq[0],
        "rel_change": gap / pq[1] if pq[1] else float("nan"),
        # Better in the median by more than the parent's IQR.
        "gap_beyond_iqr": (-gap if better == "lower" else gap) > pq[2] - pq[0],
        "bound": bound,
        # Worse in the median by more than the bound (relative).
        "beyond_bound": (gap if better == "lower" else -gap) > bound * abs(pq[1]),
    }


def complete(pair):
    return all("metrics" in pair[s] for s in ("parent", "change"))


def flags(pair):
    """Why a pair cannot back a gain: a run that did not finish, a change
    run that is not correct, or more failed operations than the parent."""
    out = ["%s run did not finish" % s for s in ("parent", "change")
           if "metrics" not in pair[s]]
    if out:
        return out
    p, c = pair["parent"], pair["change"]
    if not c.get("correct"):
        out.append("change not correct")
    if not p.get("correct"):
        out.append("parent not correct")
    if c.get("failed", 0) > p.get("failed", 0):
        out.append("change failed %d ops, parent %d" % (c["failed"], p["failed"]))
    return out


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part:
            a, b = part.split("-")
            seeds.extend(range(int(a), int(b) + 1))
        elif part:
            seeds.append(int(part))
    return seeds


def run_once(checkout, workload, seed):
    """The result line of one run, or an error record; either carries the
    run's wall time, build included, as ``wall_s``."""
    t0 = time.monotonic()
    r = subprocess.run(RUN + ["--workload", workload, "--seed", str(seed)],
                       cwd=checkout, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        return {"error": "exit %d: %s" % (r.returncode, r.stderr[-400:]), "wall_s": wall}
    return dict(json.loads(lines[-1]), wall_s=wall)


def export(root, ref, dest):
    """The files of `ref` at `dest` (what the benchmark's own parent
    checkout holds: committed files only)."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", "--format=tar", ref], cwd=root,
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def table(pairs, metrics):
    done = [p for p in pairs if complete(p)]
    rows = []
    for m in metrics:
        name = m["name"]
        par = [p["parent"]["metrics"][name]["value"] for p in done]
        chg = [p["change"]["metrics"][name]["value"] for p in done]
        rows.append((name, m["better"],
                     compare(par, chg, m["better"], m["bound"], len(pairs))))
    return rows


def fmt(x):
    return "%.4g" % x


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 401-410 or 1,5,9")
    ap.add_argument("--parent", default="HEAD", help="git ref of the parent side")
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    seeds = parse_seeds(args.seeds)

    tmp = tempfile.mkdtemp(prefix="ab_pairs_")
    parent_dir = os.path.join(tmp, "parent")
    pairs = []
    try:
        export(root, args.parent, parent_dir)
        for i, seed in enumerate(seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(parent_dir if side == "parent" else root,
                                      args.workload, seed)
            print("seed %d (%s first): %s" % (seed, order[0], " ".join(
                "%s correct=%s failed=%s wall=%.1fs" % (
                    s, pair[s].get("correct"), pair[s].get("failed"), pair[s]["wall_s"])
                if "metrics" in pair[s] else "%s ERROR %s" % (s, pair[s]["error"])
                for s in ("parent", "change"))), file=sys.stderr, flush=True)
            pairs.append(pair)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    done = sum(1 for p in pairs if complete(p))
    print("%s, %d pairs, %d complete" % (args.workload, len(pairs), done))
    for p in pairs:
        for why in flags(p):
            print("flagged: seed %d: %s" % (p["seed"], why))
    if not done:
        return 1
    print("| metric | better | parent q1/med/q3 | change q1/med/q3 | change wins "
          "| parent IQR | better by > IQR | median change | bound |")
    print("|---|---|---|---|---|---|---|---|---|")
    for name, better, c in table(pairs, metrics):
        print("| %s | %s | %s | %s | %d/%d | %s | %s | %+.1f%% | %.2f%s |" % (
            name, better, "/".join(fmt(x) for x in c["parent"]),
            "/".join(fmt(x) for x in c["change"]), c["wins"], c["pairs"],
            fmt(c["parent_iqr"]), "yes" if c["gap_beyond_iqr"] else "no",
            100 * c["rel_change"], c["bound"],
            " (worse beyond)" if c["beyond_bound"] else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
