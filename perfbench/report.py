"""Print the benchmark's results for the checkout's code key.

    python3 perfbench/report.py [--key KEY | --all-keys]

Reads <build>/perfbench/results.jsonl (written by perfbench/run.py) and, for
each workload, prints every end-to-end metric by name with its unit (median
over the untraced runs), then the per-layer metrics (median over the traced
runs) and the tracing overhead. Results are grouped by their stamp (code
key, benchmark code, workload, scale, cpus, -Xmx) and never merged across
stamps. Exits 1 when any listed run failed an output check, 2 when there is
nothing to report.
"""
import argparse
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import code_key, load_results, metric_specs, stamp, trace_overhead  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    g = ap.add_mutually_exclusive_group()
    g.add_argument("--key", help="code key to report (default: this checkout's)")
    g.add_argument("--all-keys", action="store_true")
    a = ap.parse_args()
    build_dir = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                             "perfbench")
    path = os.path.join(build_dir, "results.jsonl")
    if not os.path.exists(path):
        sys.stderr.write(f"no results at {path}\n")
        return 2
    key = None if a.all_keys else (a.key or code_key(os.getcwd()))
    recs = [r for r in load_results(path) if key is None or r["key"] == key]
    if not recs:
        sys.stderr.write(f"no results for code key {key}\n")
        return 2

    groups = {}
    for r in recs:
        groups.setdefault(stamp(r), []).append(r)
    specs = metric_specs(os.getcwd())
    bad = False
    for (k, bench, workload, scale, cpus, xmx), rs in sorted(groups.items()):
        first = rs[0]
        size = (f"sf{first['sf']}" if first["sf"] is not None
                else f"{first['payroll_rows']} payroll input rows")
        print(f"== {workload}  code {k}  benchmark {bench[:12]}  scale {scale} ({size})  "
              f"cpus {cpus}  -Xmx{xmx}")
        for trace, names in ((0, specs[0]), (1, specs[1])):
            sel = [r for r in rs if r["trace"] == trace]
            if not sel:
                continue
            print(f"  {'traced' if trace else 'untraced'}: {len(sel)} runs, "
                  f"seeds {sorted({r['seed'] for r in sel})}")
            for name, unit in names:
                vals = [r["metrics"][name] for r in sel]
                print(f"    {name:24s} {statistics.median(vals):16.4f} {unit}")
            if trace == 0:
                m = sel[-1]["metrics"]
                print(f"    (op_tail_s is the p{m['op_tail_percentile']:.0f} "
                      f"of {m['op_tail_samples']:.0f} samples in the last run)")
            else:
                over = trace_overhead(rs, sel[0])
                if over is not None:
                    print(f"    trace overhead {over[0]:+.4f} s (traced warm_s {over[1]:.4f} - "
                          f"untraced {over[2]:.4f})")
        for r in rs:
            for op, why in sorted(r["failures"].items()):
                bad = True
                print(f"  FAILED {op} (seed {r['seed']}, trace {r['trace']}): {why}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
