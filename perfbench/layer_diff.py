"""Layer table: compare two traced benchmark records layer by layer.

    python3 perfbench/layer_diff.py BEFORE.json AFTER.json

Both files are records that ``run.py --trace 1`` wrote under
``.perfbench/records/``.  Prints a Markdown table with, per layer, the
median over traced warm passes of self time, Spark jobs, executor CPU and
shuffle write, before and after.
"""

from __future__ import annotations

import argparse
import json
import sys

COLUMNS = [("self_s", "self s", "{:.3f}"), ("jobs", "jobs", "{:.0f}"),
           ("executor_cpu_s", "exec CPU s", "{:.3f}"), ("shuffle_write_mb", "shuffle MB", "{:.2f}")]


def _load(path: str) -> dict:
    with open(path) as f:
        rec = json.load(f)
    if not rec.get("layers"):
        raise SystemExit(f"{path}: not a traced record (run with --trace 1)")
    return rec


def _cell(fmt: str, a: float, b: float) -> str:
    delta = f" ({(b - a) / a:+.0%})" if a else ""
    return f"{fmt.format(a)} → {fmt.format(b)}{delta}"


def layer_table(before: dict, after: dict) -> list[str]:
    lines = ["| layer | " + " | ".join(title for _, title, _ in COLUMNS) + " |",
             "|---" * (len(COLUMNS) + 1) + "|"]
    for layer in before["layers"]:
        a, b = before["layers"][layer], after["layers"].get(layer, {})
        if not any(a.values()) and not any(b.values()):
            continue
        cells = [_cell(fmt, a[k], b.get(k, 0.0)) for k, _, fmt in COLUMNS]
        lines.append(f"| {layer} | " + " | ".join(cells) + " |")
    return lines


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args(argv)
    before, after = _load(args.before), _load(args.after)
    if before["workload"] != after["workload"]:
        print(f"warning: workloads differ ({before['workload']} vs {after['workload']})",
              file=sys.stderr)
    print(f"workload {before['workload']}: seed {before['seed']} → {after['seed']}, "
          f"git {before['env']['git_sha']} → {after['env']['git_sha']}\n")
    print("\n".join(layer_table(before, after)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
