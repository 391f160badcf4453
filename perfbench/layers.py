"""Summarise traced runs by layer, or diff two sets of traced runs.

    python3 perfbench/layers.py summary RUN...
    python3 perfbench/layers.py diff BASE_RUN... -- NEW_RUN...

A RUN is a run record (.bench_build/records/*.json) or a saved standard
output of run.py (its "run_record" line is used). Several runs of one
workload are combined by taking each layer's median. Runs of different
workloads are kept apart.
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        text = f.read()
    try:
        rec = json.loads(text)
    except json.JSONDecodeError:
        rec = None
        for line in text.splitlines():
            if line.startswith('{"run_record"'):
                rec = json.loads(line)
    if rec is None:
        raise SystemExit(f"{path}: no run record")
    return rec.get("run_record", rec)


def by_workload(paths):
    """{workload: {layer: median over the runs}} from traced runs."""
    vals = defaultdict(lambda: defaultdict(list))
    for p in paths:
        r = load(p)
        if not r.get("trace"):
            raise SystemExit(f"{p}: not a traced run (--trace 1)")
        for k, v in r["layers"].items():
            vals[r["workload"]][k].append(v)
    return {w: {k: statistics.median(v) for k, v in ls.items()} for w, ls in vals.items()}


def module(layer):
    return layer.split(".", 1)[0] if "." in layer else "run"


def summary(paths):
    for wl, layers in sorted(by_workload(paths).items()):
        print(f"== {wl}")
        last = None
        for k in sorted(layers, key=lambda k: (module(k), k)):
            if module(k) != last:
                last = module(k)
                print(f"  [{last}]")
            print(f"    {k:32s} {layers[k]:16.4f}")


def diff(base_paths, new_paths):
    base, new = by_workload(base_paths), by_workload(new_paths)
    for wl in sorted(set(base) | set(new)):
        b, n = base.get(wl, {}), new.get(wl, {})
        print(f"== {wl}")
        print(f"    {'layer':32s} {'base':>14s} {'new':>14s} {'new/base':>9s}")
        for k in sorted(set(b) | set(n), key=lambda k: (module(k), k)):
            x, y = b.get(k), n.get(k)
            ratio = f"{y / x:9.3f}" if x and y is not None else f"{'-':>9s}"
            fx = f"{x:14.4f}" if x is not None else f"{'-':>14s}"
            fy = f"{y:14.4f}" if y is not None else f"{'-':>14s}"
            print(f"    {k:32s} {fx} {fy} {ratio}")


def main(argv):
    if len(argv) >= 2 and argv[0] == "summary":
        summary(argv[1:])
    elif len(argv) >= 4 and argv[0] == "diff" and "--" in argv:
        i = argv.index("--")
        diff(argv[1:i], argv[i + 1:])
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
