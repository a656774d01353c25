"""Paired A/B runs of perfbench: a base ref against a change, alternating.

    python3 scripts/ab.py --base HEAD~1 [--change WORKTREE|<ref>] [--pairs 10]
        [--workloads wx_daily,query_mix] [--scratch DIR]

Each side runs from its own checkout: a ref is extracted with `git archive`
into `<scratch>/<ref-sha>` (so the repository's git metadata is never
touched), and `--change WORKTREE` (the default) runs the current checkout
as it stands. Each side builds its own jar under its `.bench_build/` on its
first run.

For every workload, pair i runs `perfbench/run.py --workload W --seed i`
for BENCHMARK.json's `run_seconds` on both sides, base first in odd pairs and change first in even ones, so
a drift of the host over time does not side with either. The report gives,
for each end-to-end metric in BENCHMARK.json:

  - the median over pairs of change ÷ base, and its quartiles and range
    (the spread);
  - how many pairs the change side won (a tie counts for neither side);
  - the change median ÷ the base median;
  - whether the median ratio is worse than the metric's bound.

It then lists every run's `box.control_s` (a fixed CPU probe each run
times), and flags a pair whose two controls differ by more than
CONTROL_LIMIT (relative): that pair's ratios say more about the host
than about the code. An A/A run (`--base HEAD --change HEAD`) gives the
host's noise floor. Exit status is 1 if any run failed or was incorrect.
"""
import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONTROL_LIMIT = 0.25


def git(*args):
    return subprocess.run(["git", "-C", REPO, *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def checkout(ref, scratch):
    """Extracts `ref` into `<scratch>/<sha>` once and returns that directory."""
    sha = git("rev-parse", "--verify", f"{ref}^{{commit}}")
    d = os.path.join(scratch, sha[:12])
    if not os.path.exists(os.path.join(d, ".ab_complete")):
        os.makedirs(d, exist_ok=True)
        data = subprocess.run(["git", "-C", REPO, "archive", "--format=tar", sha],
                              check=True, capture_output=True).stdout
        with tarfile.open(fileobj=io.BytesIO(data)) as tf:
            tf.extractall(d)
        open(os.path.join(d, ".ab_complete"), "w").close()
    return d


def run_once(root, workload, seed, seconds):
    """One perfbench run in checkout `root`; returns its figures by name."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds)],
                       cwd=root, capture_output=True, text=True)
    figures, result = {}, None
    for line in p.stdout.splitlines():
        if line.startswith("{"):
            result = json.loads(line)
        else:
            parts = line.split()
            if len(parts) >= 4 and parts[0] == workload and parts[2] == "=":
                try:
                    figures[parts[1]] = float(parts[3])
                except ValueError:
                    pass
    ok = p.returncode == 0 and result is not None and result.get("correct", False)
    if result is not None:
        figures.update({k: v["value"] for k, v in result.get("metrics", {}).items()})
    if not ok:
        sys.stderr.write(f"ab: {workload} seed {seed} in {root} failed "
                         f"(exit {p.returncode})\n{p.stderr[-2000:]}\n")
    return ok, figures


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", required=True, help="git ref of the parent side")
    ap.add_argument("--change", default="WORKTREE",
                    help="git ref of the change side, or WORKTREE for this checkout")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: every workload in BENCHMARK.json")
    ap.add_argument("--scratch", default=os.path.join(REPO, ".bench_build", "ab"))
    a = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    seconds = bench["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    base_root = checkout(a.base, a.scratch)
    change_root = REPO if a.change == "WORKTREE" else checkout(a.change, a.scratch)
    print(f"base   {a.base} -> {base_root}")
    print(f"change {a.change} -> {change_root}")

    failed = False
    for w in workloads:
        pairs = []
        for i in range(1, a.pairs + 1):
            order = [("base", base_root), ("change", change_root)]
            if i % 2 == 0:
                order.reverse()
            pair = {}
            for side, root in order:
                ok, figs = run_once(root, w, i, seconds)
                failed |= not ok
                pair[side] = figs if ok else None
            pair["first"] = order[0][0]
            pairs.append(pair)
            print(f"{w} pair {i} done ({order[0][0]} first)", flush=True)
        good = [p for p in pairs if p["base"] is not None and p["change"] is not None]
        print(f"\n== {w}: {len(good)}/{len(pairs)} complete pairs")
        for m in metrics:
            n = m["name"]
            ratios = [p["change"][n] / p["base"][n] for p in good
                      if p["base"].get(n) and n in p["change"]]
            if not ratios:
                continue
            med = statistics.median(ratios)
            q1, q3 = quartiles(ratios)
            of_medians = (statistics.median(p["change"][n] for p in good) /
                          statistics.median(p["base"][n] for p in good))
            lower = m["better"] == "lower"
            worse = med - 1 if lower else 1 - med
            won = sum(1 for r in ratios if (r < 1 if lower else r > 1))
            flag = "  WORSE THAN BOUND" if worse > m["bound"] else ""
            print(f"  {n:14s} median change/base {med:6.3f}  IQR {q1:6.3f}-{q3:6.3f}  "
                  f"range {min(ratios):6.3f}-{max(ratios):6.3f}  "
                  f"median/median {of_medians:6.3f}  change won {won}/{len(ratios)}  "
                  f"(bound {m['bound']}, better {m['better']}){flag}")
        for i, p in enumerate(pairs, 1):
            cb = p["base"].get("box.control_s") if p["base"] else None
            cc = p["change"].get("box.control_s") if p["change"] else None
            moved = cb and cc and abs(cc / cb - 1) > CONTROL_LIMIT
            fmt = lambda v: "failed" if v is None else f"{v:.3f} s"
            print(f"  pair {i}: box.control_s base {fmt(cb)}, change {fmt(cc)}, "
                  f"{p['first']} first{'  CONTROL MOVED' if moved else ''}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
