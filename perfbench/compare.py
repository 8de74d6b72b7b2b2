"""Compare two sets of benchmark artifacts, workload by workload.

    python3 perfbench/compare.py <base artifacts...> -- <change artifacts...>

Arguments are artifact files or directories of them
(.perfbench_runs/artifacts/ by default layout).  The two sides must have
been measured on the same footing: same cpus, workload, run length,
input sizes and generator version.  When they were not, the comparison
is refused with the reason and exit code 3, because a difference in
those explains a change in the numbers as well as any code change does.
Seeds may differ; that is the point of running several.

For every end-to-end metric it prints each side's median and quartiles,
the change of the medians and whether it exceeds the bound in
BENCHMARK.json.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# fields that must match for two runs to be comparable
FOOTING = (
    ("host", "cpus"),
    ("seconds",),
    ("scale",),
    ("trace",),
    ("inputs", "sizes"),
    ("inputs", "gen_version"),
)


def load(paths: list[str]) -> list[dict]:
    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(glob.glob(os.path.join(p, "*.json")))
        else:
            files.append(p)
    out = []
    for f in files:
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            art = json.load(fh)
        art["_path"] = f
        out.append(art)
    return out


def field(art: dict, path: tuple[str, ...]):
    for key in path:
        art = art.get(key, {}) if isinstance(art, dict) else {}
    return art


def footing_mismatches(base: list[dict], change: list[dict]) -> list[str]:
    """Reasons the two sides cannot be compared (empty when they can)."""
    reasons = []
    runs = base + change
    for path in FOOTING:
        seen = {json.dumps(field(a, path), sort_keys=True) for a in runs}
        if len(seen) > 1:
            reasons.append(f"{'.'.join(path)} differs between runs: {sorted(seen)}")
    return reasons


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def compare(base: list[dict], change: list[dict], bounds: dict) -> list[str]:
    lines = []
    for workload in sorted({a["workload"] for a in base + change}):
        b = [a for a in base if a["workload"] == workload]
        c = [a for a in change if a["workload"] == workload]
        if not b or not c:
            lines.append(f"{workload}: runs on one side only")
            continue
        reasons = footing_mismatches(b, c)
        if reasons:
            raise SystemExit(
                "refusing to compare " + workload + ":\n  " + "\n  ".join(reasons)
            )
        cal_b = statistics.median(a["host"]["calibration_s"] for a in b)
        cal_c = statistics.median(a["host"]["calibration_s"] for a in c)
        lines.append(
            f"{workload}: base {len(b)} runs, change {len(c)} runs, "
            f"calibration {cal_b:.3f}s vs {cal_c:.3f}s"
        )
        for name in sorted(b[0]["metrics"]):
            vb = [a["metrics"][name]["value"] for a in b]
            vc = [a["metrics"][name]["value"] for a in c]
            qb, qc = quartiles(vb), quartiles(vc)
            unit = b[0]["metrics"][name]["unit"]
            verdict = ""
            spec = bounds.get(name)
            if spec and qb[1]:
                worse = (qc[1] - qb[1]) / qb[1]
                if spec["better"] == "higher":
                    worse = -worse
                verdict = f"  {'REGRESSION' if worse > spec['bound'] else 'ok'} (bound {spec['bound']:.0%})"
            change_pct = (qc[1] / qb[1] - 1) * 100 if qb[1] else float("nan")
            lines.append(
                f"  {name:<38} {qb[1]:>12.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  ->  "
                f"{qc[1]:>12.4g} [{qc[0]:.4g}, {qc[2]:.4g}] {unit}  {change_pct:+.1f}%{verdict}"
            )
    return lines


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, change = load(argv[:cut]), load(argv[cut + 1 :])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    try:
        lines = compare(base, change, bounds)
    except SystemExit as exc:
        print(exc, file=sys.stderr)
        return 3
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
