"""Interleaved A/B of the working tree against a base commit on perfbench.

    python tools/ab.py --workload vat_sheets --seed 1 --pairs 10
    python tools/ab.py --workload corpus_stream --seed 3 --pairs 4 --base HEAD~1

Makes two checkouts under ``.ab_work/`` (gitignored): ``base``, the
committed tree of ``--base`` (default ``HEAD``), and ``change``, the
working tree as it is now, uncommitted edits and untracked files included.
Each is its own small git repository, so perfbench's "the working tree
did not change during the run" check looks at the copy, not at this
checkout, which can be edited while the A/B runs.

It then runs ``perfbench/run.py --workload W --seed S --seconds T --trace
X`` in them ``--pairs`` times, one process at a time, alternating which
side runs first (pair 0 runs base first). Per metric it prints each side's
median and interquartile range over the runs, the change's median
relative to the base's, and in how many pairs the change was better (each
metric's direction is the one ``BENCHMARK.json`` declares; per-layer
metrics of a traced run too). Every run's JSON line is kept in
``.ab_work/<workload>-seed<S>-trace<X>.json``. Exits 1 if any run was not
correct.

Never run it beside another Spark JVM: the two sides would time each
other's contention.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".ab_work")
SIDES = ("base", "change")


def _git(*args: str, cwd: str = ROOT) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, check=True, capture_output=True, text=True
    ).stdout


def _commit_copy(path: str, label: str) -> None:
    """Make ``path`` its own git repository with everything committed."""
    ident = ["-c", "user.name=ab", "-c", "user.email=ab@localhost"]
    _git("init", "-q", cwd=path)
    _git("add", "-A", cwd=path)
    _git(*ident, "commit", "-q", "-m", label, cwd=path)


def make_checkouts(base_rev: str) -> dict[str, str]:
    """Fresh ``base`` and ``change`` checkouts; returns side -> path."""
    dirs = {s: os.path.join(WORK, s) for s in SIDES}
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    with tempfile.TemporaryFile() as fh:
        subprocess.run(["git", "archive", base_rev], cwd=ROOT, stdout=fh, check=True)
        fh.seek(0)
        with tarfile.open(fileobj=fh) as tar:
            tar.extractall(dirs["base"], filter="tar")
    # the working tree: tracked files as they are now, plus untracked files
    # that .gitignore does not exclude; files deleted but not yet committed
    # are left out
    listed = _git("ls-files", "-z", "--cached", "--others", "--exclude-standard")
    for rel in filter(None, listed.split("\0")):
        src = os.path.join(ROOT, rel)
        if not os.path.isfile(src):
            continue
        dst = os.path.join(dirs["change"], rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy2(src, dst)
    rev = _git("rev-parse", "--short", base_rev).strip()
    _commit_copy(dirs["base"], f"base {rev}")
    _commit_copy(dirs["change"], f"working tree over {rev}")
    return dirs


def run_once(path: str, args: argparse.Namespace) -> dict:
    """One perfbench process in checkout ``path``; its last stdout line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=path, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        tail = "\n".join(p.stderr.strip().splitlines()[-5:])
        return {"correct": False, "error": f"exit {p.returncode}: {tail}", "metrics": {}}
    return json.loads(lines[-1])


def directions() -> dict[str, str]:
    """metric -> "lower" or "higher", from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def summarize(runs: list[dict], better: dict[str, str]) -> list[dict]:
    """Per metric: each side's median and IQR, the change's median relative
    to the base's, and the pairs the change won."""
    pairs = [(r["base"], r["change"]) for r in runs]
    names = sorted({k for b, c in pairs for k in b.get("metrics", {})} & {
        k for b, c in pairs for k in c.get("metrics", {})})
    rows = []
    for name in names:
        vals = {s: [] for s in SIDES}
        wins = n = 0
        for b, c in pairs:
            bv = b["metrics"].get(name, {}).get("value")
            cv = c["metrics"].get(name, {}).get("value")
            if bv is None or cv is None:
                continue
            vals["base"].append(bv)
            vals["change"].append(cv)
            n += 1
            wins += (cv < bv) if better.get(name, "lower") == "lower" else (cv > bv)
        if not n:
            continue
        med = {s: statistics.median(vals[s]) for s in SIDES}
        rows.append({
            "metric": name,
            "better": better.get(name, "lower"),
            **{f"{s}_median": med[s] for s in SIDES},
            **{f"{s}_iqr": _iqr(vals[s]) for s in SIDES},
            "change_vs_base": med["change"] / med["base"] - 1 if med["base"] else None,
            "wins": wins,
            "pairs": n,
        })
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default="HEAD", help="base commit (default HEAD)")
    args = ap.parse_args(argv)

    dirs = make_checkouts(args.base)
    out_path = os.path.join(
        WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    runs = []
    for i in range(args.pairs):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair = {"pair": i, "first": order[0]}
        for side in order:
            pair[side] = run_once(dirs[side], args)
            op = pair[side].get("metrics", {}).get("op_p50_s", {}).get("value")
            print(f"[ab] pair {i} {side}: correct={pair[side].get('correct')} "
                  f"op_p50_s={op}", file=sys.stderr, flush=True)
        runs.append(pair)
        with open(out_path, "w") as fh:
            json.dump({"args": vars(args), "runs": runs}, fh, indent=1)

    rows = summarize(runs, directions())
    with open(out_path, "w") as fh:
        json.dump({"args": vars(args), "runs": runs, "summary": rows}, fh, indent=1)
    print(f"{'metric':<40} {'base med':>12} {'base IQR':>10} {'change med':>12} "
          f"{'change IQR':>10} {'delta':>8} {'wins':>6}")
    for r in rows:
        delta = "" if r["change_vs_base"] is None else f"{100 * r['change_vs_base']:+.1f}%"
        print(f"{r['metric']:<40} {r['base_median']:>12.4g} {r['base_iqr']:>10.3g} "
              f"{r['change_median']:>12.4g} {r['change_iqr']:>10.3g} {delta:>8} "
              f"{r['wins']:>3}/{r['pairs']}")
    bad = [(r["pair"], s) for r in runs for s in SIDES if not r[s].get("correct")]
    if bad:
        print(f"runs not correct (pair, side): {bad}", file=sys.stderr)
    print(f"runs: {out_path}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
