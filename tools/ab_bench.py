"""Interleaved A/B of one perfbench workload between two commits.

    python tools/ab_bench.py --workload curate_stream --parent aed5f44 \
        --change HEAD --seeds 61-70 [--out ab.json]

Each commit is exported with ``git archive`` into its own fresh
directory, so both sides run their committed files only.  To measure
uncommitted work, stage it and pass ``--change "$(git stash create)"``
(a commit object of the index and working tree; no ref is touched).

One pair per seed: both sides run ``perfbench/run.py --trace 0`` with
that seed for the ``run_seconds`` in ``BENCHMARK.json``, and the side
that runs first alternates from pair to pair.  Every pair is printed as
it finishes; at the end each side's median and quartiles of every
end-to-end metric, and the win count of ``latency_p50_s``.  A gain is
claimed only when the change wins at least nine pairs in ten (ties
count for neither side) and the medians differ by more than the
parent's interquartile range.

Any run that exits non-zero, prints no result, reports
``correct: false`` or ``failed > 0`` stops the tool with exit status 1
before anything is written; ``--out`` is only written after every run
succeeded.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 1800
METRIC = "latency_p50_s"


class RunFailed(Exception):
    pass


def parse_seeds(text: str) -> list[int]:
    """``61-70`` or ``61,63,65`` (or a mix)."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export(rev: str, dest: str) -> str:
    """Extract the files of ``rev`` into ``dest``; returns the full sha."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", f"{rev}^{{commit}}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise RunFailed(f"git archive {rev} failed")
    return sha


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          timeout=RUN_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    where = f"{checkout} seed {seed}"
    if proc.returncode != 0 or not lines:
        raise RunFailed(f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError as e:
        raise RunFailed(f"{where}: last stdout line is not JSON ({e})") from e
    if not result.get("correct") or result.get("failed", 1) > 0:
        raise RunFailed(f"{where}: correct={result.get('correct')} "
                        f"failed={result.get('failed')}/{result.get('attempted')}\n"
                        f"{proc.stderr[-3000:]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def benchmark_spec(checkout: str) -> tuple[float, bool]:
    """(run seconds, whether lower METRIC is better) from the checkout's
    BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = next(m["better"] for m in spec["end_to_end"] if m["name"] == METRIC)
    return float(spec["run_seconds"]), better == "lower"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--parent", required=True, help="git rev of the parent side")
    p.add_argument("--change", required=True, help="git rev of the change side")
    p.add_argument("--seeds", required=True, type=parse_seeds,
                   help="one pair per seed, e.g. 61-70")
    p.add_argument("--out", help="JSON summary, written only if every run succeeded")
    args = p.parse_args(argv)

    work = tempfile.mkdtemp(prefix="ab_bench_")
    try:
        dirs = {side: os.path.join(work, side) for side in ("parent", "change")}
        shas = {side: export(getattr(args, side), d) for side, d in dirs.items()}
        print(f"parent {shas['parent'][:10]}  change {shas['change'][:10]}  "
              f"workload {args.workload}  seeds {args.seeds}", flush=True)
        seconds, lower = benchmark_spec(dirs["change"])
        runs = {"parent": [], "change": []}
        for i, seed in enumerate(args.seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {side: run_once(dirs[side], args.workload, seed, seconds)
                   for side in order}
            for side in order:
                runs[side].append({"seed": seed, "first": order[0], **got[side]})
            a, b = got["parent"][METRIC], got["change"][METRIC]
            print(f"pair {i + 1:2d} seed {seed} first={order[0]:6s} "
                  f"{METRIC}: parent {a:.4g} change {b:.4g} ({b / a:.3f}x)",
                  flush=True)
    except (RunFailed, subprocess.SubprocessError) as e:
        print(f"ab_bench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = {"workload": args.workload, "parent": shas["parent"],
               "change": shas["change"], "seeds": args.seeds,
               "seconds": seconds, "runs": runs, "metrics": {}}
    for name in runs["parent"][0]:
        if name in ("seed", "first"):
            continue
        row = {}
        for side in ("parent", "change"):
            q1, med, q3 = quartiles([r[name] for r in runs[side]])
            row[side] = {"median": med, "q1": q1, "q3": q3}
        summary["metrics"][name] = row
        print(f"{name:16s} parent {row['parent']['median']:.4g} "
              f"[{row['parent']['q1']:.4g}, {row['parent']['q3']:.4g}]  "
              f"change {row['change']['median']:.4g} "
              f"[{row['change']['q1']:.4g}, {row['change']['q3']:.4g}]  "
              f"({row['change']['median'] / row['parent']['median']:.3f}x)")
    sign = 1 if lower else -1
    pairs = list(zip(runs["parent"], runs["change"]))
    wins = sum(sign * (a[METRIC] - b[METRIC]) > 0 for a, b in pairs)
    losses = sum(sign * (a[METRIC] - b[METRIC]) < 0 for a, b in pairs)
    m = summary["metrics"][METRIC]
    gap = sign * (m["parent"]["median"] - m["change"]["median"])
    iqr = m["parent"]["q3"] - m["parent"]["q1"]
    gain = wins >= 0.9 * len(pairs) and gap > iqr
    summary.update(wins=wins, losses=losses, parent_iqr=iqr, median_gap=gap,
                   gain_shown=gain)
    print(f"{METRIC}: change better in {wins}/{len(pairs)} pairs "
          f"(worse in {losses}); median gap {gap:.4g} vs parent IQR {iqr:.4g}: "
          f"gain {'shown' if gain else 'NOT shown'}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
