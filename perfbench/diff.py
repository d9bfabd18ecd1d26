"""Layer differ: compares two runs of the benchmark metric by metric.

    python3 perfbench/diff.py band A.json B.json            # noise band of two same-code runs
    python3 perfbench/diff.py compare BASE.json NEW.json    # flag moves outside the band
    python3 perfbench/diff.py overhead UNTRACED.json TRACED.json

A run is a report from perfbench/.work/reports/ or the JSON line the
command prints.  `band` prints, per metric, the relative difference of two
runs of the same code; the band recorded in perfbench/layers.json
("noise_band", per workload) was measured that way.  `compare` reads that
band for the workload of BASE and flags each metric
whose relative move exceeds it; a metric without a band entry is flagged
when it moves at all.  `overhead` reports, for each end-to-end metric, how
much the traced run's value (`traced.<metric>`) differs from the untraced
run's.
"""
import argparse
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    """(document, {metric: value}) of a report file or a printed result line."""
    with open(path) as fh:
        text = fh.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        doc = json.loads(text.strip().splitlines()[-1])
    return doc, {k: v["value"] for k, v in doc["metrics"].items()}


def rel(a, b):
    """Relative move from a to b; 0 when both are 0."""
    if a == b:
        return 0.0
    base = max(abs(a), abs(b))
    return (b - a) / base


def band(a, b):
    return {k: abs(rel(a[k], b[k])) for k in sorted(a) if k in b}


def compare(base, new, noise):
    """[(metric, base, new, relative move, band)] for every move outside the band."""
    out = []
    for k in sorted(base):
        if k not in new:
            continue
        r = rel(base[k], new[k])
        limit = noise.get(k, 0.0)
        if abs(r) > limit:
            out.append((k, base[k], new[k], r, limit))
    return out


def overhead(untraced, traced):
    return {k: rel(v, traced[f"traced.{k}"]) for k, v in sorted(untraced.items())
            if f"traced.{k}" in traced}


def main(argv=None):
    ap = argparse.ArgumentParser(description="Compare two benchmark runs layer by layer.")
    ap.add_argument("mode", choices=("band", "compare", "overhead"))
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args(argv)
    doc_a, a = load(args.a)
    _, b = load(args.b)
    if args.mode == "band":
        print(json.dumps({k: round(v, 4) for k, v in band(a, b).items()}, indent=1))
    elif args.mode == "overhead":
        for k, v in overhead(a, b).items():
            print(f"{k:<16} {a[k]:>14.4f} -> traced {b['traced.' + k]:>14.4f}  {100 * v:+.1f}%")
    else:
        with open(os.path.join(HERE, "layers.json")) as fh:
            bands = json.load(fh)["noise_band"]
        noise = bands.get(doc_a.get("workload"), {})
        moves = compare(a, b, noise)
        for k, x, y, r, limit in moves:
            print(f"MOVED {k:<40} {x:>14.4f} -> {y:>14.4f}  {100 * r:+.1f}% (band {100 * limit:.1f}%)")
        print(f"{len(moves)} of {len(a)} metrics moved outside the noise band")


if __name__ == "__main__":
    main()
