"""Time registered queries engine-side (no oracle) across sf dirs.

Times ``fn(spark, sf_dir)`` plus a noop write with the shared steady
timer (``tools/ab.steady``: warm run, then min of 2 from a cleared
cache). fn() is inside the timer because streaming gates run their
micro-batch replay in it, and plan construction is part of the cost.

Usage: python tools/time_registry.py [--json OUT.json] [--resume]
           [--skip q1,q2] [sf_dir ...] [query ...]

No sf dir means the sf0.1 testdata; no query means every registered
query. OUT.json holds {"sf_dirs", "total_sec", "queries": {query:
{sf_label: {"sec", "status"}}}} and is rewritten after every query;
--resume keeps its entries marked "ok". stderr gets a table of every
query's seconds per sf dir, slowest first, with the last/first ratio.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.ab import steady  # noqa: E402


def main() -> int:
    argv = list(sys.argv[1:])
    out_path, resume, skip = None, False, set()
    if "--json" in argv:
        i = argv.index("--json")
        out_path = argv[i + 1]
        del argv[i : i + 2]
    if "--resume" in argv:
        resume = True
        argv.remove("--resume")
    if "--skip" in argv:
        i = argv.index("--skip")
        skip = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    sf_dir = argv.pop(0) if argv and os.path.isdir(argv[0]) else "/root/testdata/sf0.1"
    sf_dirs = [sf_dir] + [a for a in argv if os.path.isdir(a)]
    only = [a for a in argv if not os.path.isdir(a)]

    from rspl_spark.queries import load_registry
    from rspl_spark.session import get_spark

    reg = load_registry()
    results: dict[str, dict] = {}
    if resume and out_path and os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f).get("queries", {})
    labels = [os.path.basename(d.rstrip("/")) for d in sf_dirs]

    def flush() -> None:
        if out_path:
            total = {lbl: round(sum(r.get(lbl, {}).get("sec", 0) for r in results.values()), 3)
                     for lbl in labels}
            with open(out_path, "w") as f:
                json.dump({"sf_dirs": sf_dirs, "total_sec": total, "queries": results},
                          f, indent=1, sort_keys=True)

    spark = get_spark("time-registry")
    names = only or sorted(reg)
    for d, label in zip(sf_dirs, labels):
        for i, name in enumerate(names):
            rec = results.setdefault(name, {})
            if rec.get(label, {}).get("status") == "ok":
                continue
            if name in skip:
                rec[label] = {"status": "skipped"}
                continue
            try:
                _, sec = steady(spark, lambda: reg[name].fn(spark, d), group=f"time_registry:{name}")
                rec[label] = {"sec": sec, "status": "ok"}
            except Exception as e:
                rec[label] = {"status": "error", "detail": str(e)[:300]}
            print(f"[{label} {i + 1}/{len(names)}] {name}: {rec[label]}", file=sys.stderr, flush=True)
            flush()
    secs = {n: [r.get(lbl, {}).get("sec") for lbl in labels] for n, r in results.items()}
    secs = {n: t for n, t in secs.items() if None not in t}
    print("\n| query | " + " | ".join(labels) + " | last/first |", file=sys.stderr)
    print("|---" * (len(labels) + 2) + "|", file=sys.stderr)
    for n, t in sorted(secs.items(), key=lambda kv: -kv[1][0]):
        ratio = f"{t[-1] / t[0]:.2f}x" if t[0] else "-"
        print(f"| {n} | " + " | ".join(map(str, t)) + f" | {ratio} |", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
